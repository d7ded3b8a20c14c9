#!/usr/bin/env python
"""Time the DuckDB oracle SQL for the headline queries at a given SF dir.

Prints one JSON line {"oracle_total": sec, "queries": {...}} — the
denominator for the bench-vs-oracle ratio the judge grades, under
bench.py's oracle protocol (warm + min of 2).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from bench import HEADLINE, SF_DIR, oracle_connection, oracle_seconds
    from data_feature_extraction_and_retrieval_pipeline_spark import (
        queries as Q,
        schemas,
    )

    oracles = Q.oracle_sql()
    con = oracle_connection(SF_DIR, schemas.TABLES)
    timings = {
        name: round(oracle_seconds(con, oracles[name]), 4)
        for name in HEADLINE
        if name in oracles
    }
    print(
        json.dumps(
            {
                "oracle_total": round(sum(timings.values()), 3),
                "n_queries": len(timings),
                "queries": timings,
            }
        )
    )


if __name__ == "__main__":
    main()
