"""Derive ``expected.json`` (row count + value digest per panel query)
from the package's DuckDB oracles over the generated inputs.

    python3 perfbench/make_expected.py

Run it again only when the generator in data.py or the panel changes.
"""

from __future__ import annotations

import json
import os

import run
import workloads


def main() -> None:
    run.prepare_environment()
    run.redirect_package_paths()
    from taxi_rides_ny_duckdb_spark import contract

    contract.load_all()
    sf_dir = run.prepare("contract_sf0.1", 0, small=False)[0]["contract"]
    expected = {"contract_sf0.1": workloads.oracle_digests(sf_dir, workloads.CONTRACT_PANEL)}
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
