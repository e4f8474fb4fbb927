#!/usr/bin/env python3
"""Dump ``explain("formatted")`` for named registered queries to files.

Usage:
    python tools/dump_plans.py <repo_root> <out_dir> <suffix> <name>[=<alias>] ...

For each ``name`` the query's DataFrame is built against
``$SPARK_GRAFT_SF_DIR`` (default sf0.001 — plan shape only, so the
smallest fixture) and the formatted physical plan is written to
``<out_dir>/<alias or name>_<suffix>.txt``.  The ``name=alias`` form
lets a *new* query's "before" file be captured from the pre-existing
counterpart it replaces (e.g. ``dedup_lsh_neardup=dedup_lsh_neardup_sketch``
run against the round-10 tree writes ``dedup_lsh_neardup_sketch_before.txt``
from the exact path's plan).

The plan of every frame the query pins through
``plans.checkpoint.iter_checkpoint`` while it is built is appended as a
``-- pin i`` section: an iterative query's rounds run at construction
time, so its final frame alone shows only the last checkpoint scan.

``<repo_root>`` is prepended to ``sys.path`` so the same script can dump
plans from a historical git worktree (the "before" side) and from HEAD.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    repo, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    specs = [s.split("=", 1) for s in sys.argv[4:]]
    sys.path.insert(0, repo)

    from grpc_map_reduce_spark import get_spark, registry
    from grpc_map_reduce_spark.plans import checkpoint
    from grpc_map_reduce_spark.plans.audit import explain_str

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    pinned: list[str] = []
    orig = checkpoint.iter_checkpoint

    def recording(df, eager=True):
        pinned.append(explain_str(df, "formatted"))
        return orig(df, eager)

    # Operator modules bind the function at import: rebind them all.
    for mod in list(sys.modules.values()):
        if getattr(mod, "iter_checkpoint", None) is orig:
            mod.iter_checkpoint = recording
    for spec in specs:
        name = spec[0]
        alias = spec[1] if len(spec) == 2 else name
        q = queries.get(name)
        path = os.path.join(out_dir, f"{alias}_{suffix}.txt")
        if q is None:
            print(f"SKIP {name}: not registered in {repo}")
            continue
        pinned.clear()
        df = q.spark_fn(spark, sf_dir)
        plan = explain_str(df, "formatted") + "".join(
            f"\n\n-- pin {i} (iter_checkpoint)\n{p}"
            for i, p in enumerate(pinned, 1))
        header = (
            f"-- query: {name}"
            + (f" (written as {alias}: captured from pre-existing counterpart {name})" if alias != name else "")
            + f"\n-- repo: {repo}\n-- sf_dir: {sf_dir}\n\n"
        )
        with open(path, "w") as fh:
            fh.write(header + plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
