"""Dump ``explain("formatted")`` for named queries into plans/<round>/.

Usage: python scripts/plans.py <round> before|after query [query ...]
Example: python scripts/plans.py r13 after graph_components
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (local[N] width, default the usable core count).

Writes a ``<query>_before.txt`` / ``<query>_after.txt`` pair for every
query an optimization round touches, captured at the bench scale so the
plan claims in that round's OPTIMIZATION notes are checkable.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

USAGE = "usage: python scripts/plans.py <round> before|after query [query ...]"


def main(argv: list[str]) -> int:
    if len(argv) < 3 or argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        return 2
    rnd, suffix, names = argv[0], argv[1], argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from komodo_data_spark.plans.audit import formatted_plan
    from komodo_data_spark.session import default_cores, get_spark

    cpus = default_cores()

    spark = get_spark(
        app_name=f"plans-{rnd}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spark.catalog.clearCache()
        try:
            plan = formatted_plan(qs[name](spark, sf_dir))
        except Exception as exc:  # keep going; a failed plan is itself news
            plan = f"PLAN FAILED: {exc}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
