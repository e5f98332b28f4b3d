"""Recompute ``pinned.json``: the expected outputs ``query_mix`` checks.

    python3 perfbench/pin.py

For every query the pin is its DuckDB oracle's (rows, hash) over the
fixed query tables of ``inputs.write_tables``, and so is the expected
curation manifest (the oracle of ``docs_curation_e2e_verdict``); Spark is
not involved.
Re-pin only when the generated tables or the query list change, never to
make a failing check pass.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE)]


def main() -> int:
    from perfbench import checks, inputs, query_mix

    with tempfile.TemporaryDirectory() as work:
        inputs.write_tables(work)
        pins = checks.oracle_hashes(work, list(
            query_mix.SQL_QUERIES + query_mix.OPERATOR_QUERIES + (query_mix.CURATION_ORACLE,)
        ))
    with open(os.path.join(HERE, "pinned.json"), "w") as fh:
        json.dump({"query_mix": pins}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(pins, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
