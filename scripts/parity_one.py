"""Per-entry oracle parity check (driver comparison semantics).

Usage: python scripts/parity_one.py ENTRY [ENTRY...] [--sf SF_DIR [SF_DIR...]]

``--sf`` takes one or more dirs and may repeat, so ``--sf A B`` and
``--sf A --sf B`` are the same.

Runs each named registry entry on Spark and its DuckDB oracle at each
given scale dir (default: sf0.001 and sf0.01) and reports hash_match
per (entry, sf) using the exact value-hash the driver/local sweep use.
Exit code 1 if anything mismatches.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.local_correctness import value_hash  # noqa: E402


def parse_args(argv: list[str] | None = None) -> tuple[list[str], list[str]]:
    """(entry names, scale dirs) from the command line; no dirs if
    ``--sf`` is not given."""
    parser = argparse.ArgumentParser(description="Per-entry oracle parity check.")
    parser.add_argument("names", nargs="+", metavar="ENTRY")
    parser.add_argument(
        "--sf", nargs="+", action="extend", default=[], metavar="SF_DIR",
        help="scale dirs (repeatable; default sf0.001 and sf0.01)",
    )
    args = parser.parse_args(argv)
    return args.names, args.sf


def main() -> None:
    import duckdb

    from clean_census_acs_data_spark.compare import schema_kinds
    from clean_census_acs_data_spark.io import TABLES
    from clean_census_acs_data_spark.queries import ORACLES, QUERIES
    from clean_census_acs_data_spark.session import get_spark

    names, sfs = parse_args()
    if not sfs:
        sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    spark = get_spark(app_name="parity_one")
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    for sf_dir in sfs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in names:
            sdf = QUERIES[name](spark, sf_dir).toPandas()
            odf = con.execute(ORACLES[name]).df()
            ok = (
                len(sdf) == len(odf)
                and schema_kinds(sdf) == schema_kinds(odf)
                and value_hash(sdf) == value_hash(odf)
            )
            print(
                f"{name} @ {os.path.basename(sf_dir)}: "
                f"{'green' if ok else 'MISMATCH'} "
                f"(spark {len(sdf)} rows, oracle {len(odf)} rows)",
                flush=True,
            )
            bad += 0 if ok else 1
        con.close()
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
