"""Pin the oracle answers the operator_analytics workload cannot
afford to compute in set-up.

    python3 perfbench/pin_oracles.py

Generates the fixed ``documents`` table (with any seed's other tables),
runs the DuckDB twins from ``__spark_entry__.oracle_sql()`` for the pinned
entries (q24, q150, q156: minutes in DuckDB; they read only ``documents``)
and writes their answers, in the workload's canonical form, to
``perfbench/oracle_pins.json``.  Rerun it whenever ``gen.py`` changes the
documents or ``oracle_sql()`` changes one of these twins; until then those
three entries fail their check.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import __spark_entry__ as E  # noqa: E402
import gen  # noqa: E402
from operator_analytics import (  # noqa: E402
    PINNED, PINS_PATH, canonical, duckdb_views, make_tables,
)


def main() -> None:
    tables = make_tables(0)
    oracles = E.oracle_sql()
    with tempfile.TemporaryDirectory() as tmp:
        gen.write_tables(tables, tmp)
        con = duckdb_views(tmp)
        pins = {name: canonical(con.execute(oracles[name]).df()) for name in PINNED}
        con.close()
    with open(PINS_PATH, "w", encoding="utf-8") as fh:
        json.dump(pins, fh)
        fh.write("\n")
    print({name: len(p["rows"]) for name, p in pins.items()})


if __name__ == "__main__":
    main()
