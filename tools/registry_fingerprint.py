"""Fingerprint registered queries: the before/after check for any
registry refactor.

For every registered query whose name matches ``--match`` (sorted by
name), prints one JSON line:

  {"name", "rows", "spark", "duckdb", "plan"}

* ``rows``: row count of the Spark result;
* ``spark``: hash of the sorted collected Spark rows;
* ``duckdb``: hash of the sorted rows of the query's DuckDB oracle over
  the same fixture dir (``null`` for rows-only queries);
* ``plan``: hash of the Spark ``optimizedPlan`` string with expression
  ids (``#n``), the physical plan ids of cached relations
  (``plan_id=n``) and the random suffixes of ``bfann-*`` temp dirs
  stripped.

A hash is the first 16 hex digits of sha256 over the repr of the rows
sorted by repr. Run it on the parent and on the change, over the same
fixture dir, and diff the two outputs.

Usage:
  python tools/registry_fingerprint.py --sf FIXTURE_DIR --match '^ann_'
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark import (  # noqa: E402
    get_spark,
    registry,
)
from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.session import (  # noqa: E402
    clear_caches,
)
from tests.oracle_harness import duckdb_conn  # noqa: E402

_IDS = re.compile(r"#\d+L?|plan_id=\d+")
_TMP_SUFFIX = re.compile(r"(bfann-[a-z0-9-]*?-)[A-Za-z0-9_]{8}\b")


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def rows_hash(rows) -> str:
    return _digest(repr(sorted((tuple(r) for r in rows), key=repr)))


def plan_hash(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return _digest(_TMP_SUFFIX.sub(r"\1*", _IDS.sub("", plan)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="fixture dir (sf0.001, sf0.01, ...)")
    ap.add_argument("--match", default=".", help="regex over registered query names")
    args = ap.parse_args()

    spark = get_spark(
        app_name="registry-fingerprint",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_conn(args.sf)
    pattern = re.compile(args.match)
    for name in sorted(n for n in registry.QUERIES if pattern.search(n)):
        df = registry.QUERIES[name](spark, args.sf)
        plan = plan_hash(df)
        rows = df.collect()
        sql = registry.ORACLES.get(name)
        print(
            json.dumps(
                {
                    "name": name,
                    "rows": len(rows),
                    "spark": rows_hash(rows),
                    "duckdb": rows_hash(con.sql(sql).fetchall()) if sql else None,
                    "plan": plan,
                }
            ),
            flush=True,
        )
    con.close()
    clear_caches(spark)


if __name__ == "__main__":
    main()
