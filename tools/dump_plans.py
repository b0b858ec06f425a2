"""Dump `.explain("formatted")` for headline queries to plans/r15/.

Usage: python tools/dump_plans.py <suffix> [query ...]
  suffix: "before" or "after" — file becomes plans/r15/<query>_<suffix>.txt
  query:  optional subset; default = every bench HEADLINE query

The optimization-round judge cannot run Spark; these files are the
evidence for every plan-shape claim in OPTIMIZATION_r15.md.  Plans are
captured at sf0.001 (plan SHAPE is scale-invariant for these queries;
only AQE's runtime re-planning differs).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = sys.argv[2:]

    import __spark_entry__ as entrymod
    from bench import HEADLINE

    from sample_keyspaces_cdc_streams_connectors_spark.session import get_spark

    spark = get_spark("dump-plans")
    queries = entrymod.queries()
    names = only or HEADLINE

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r15",
    )
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        df = queries[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {SF_DIR} ({suffix})\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
