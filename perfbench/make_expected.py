"""Store the registry oracles' results for the corpus operators.

    python3 perfbench/make_expected.py

Evaluates each corpus operator's DuckDB oracle SQL (``registry.ORACLES``)
over the fixture with ``tests/oracle.py``'s ``duckdb_oracle`` and writes
the frame to ``perfbench/expected/<name>.parquet``, plus a manifest of
oracle-SQL digests so the benchmark refuses a frame whose oracle changed.
Rerun it whenever a corpus operator's oracle SQL changes.
"""

from __future__ import annotations

import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from checks import EXPECTED_DIR, oracle_digest  # noqa: E402
from run import DEFAULT_SF_DIR  # noqa: E402
from workloads import CORPUS_MODULES, CORPUS_OPS  # noqa: E402


def main() -> int:
    import pandas as pd

    from glaredb_spark.registry import ORACLES
    from tests.oracle import compare_frames, duckdb_oracle

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    for m in CORPUS_MODULES:
        importlib.import_module(f"glaredb_spark.operators.{m}")
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    manifest = {}
    for name in CORPUS_OPS:
        frame = duckdb_oracle(ORACLES[name], sf_dir)
        path = os.path.join(EXPECTED_DIR, f"{name}.parquet")
        frame.to_parquet(path, index=False)
        errs = compare_frames(pd.read_parquet(path), frame)
        if errs:
            raise SystemExit(f"{name}: parquet round trip changed it: {errs}")
        manifest[name] = oracle_digest(ORACLES[name])
        print(f"{name}: {len(frame)} rows, {os.path.getsize(path)} bytes")
    with open(os.path.join(EXPECTED_DIR, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
