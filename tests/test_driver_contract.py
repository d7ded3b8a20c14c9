"""The driver contract must work under a CALLER-provided vanilla
SparkSession (no engine-specific confs) — regression for the
TIMESTAMP(NANOS) read failure.

Runs in a subprocess because the in-process pytest session already
carries the engine confs (getOrCreate would reuse it).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

SCRIPT = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as E
rows = E.entry(spark).collect()
assert len(rows) == 10, len(rows)
qs = E.queries()
oracles = E.oracle_sql()
assert set(oracles) <= set(qs)
# one query per input table family, incl. the nanos-timestamp events
for name in ("q1_pricing_summary", "knn_whole", "text_token_count",
             "events_tumbling_window"):
    n = qs[name](spark, "/root/testdata/sf0.001").count()
    assert n > 0, name
print("CONTRACT_OK")
"""


def test_contract_under_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT % {"repo": str(REPO)}],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
    )
    assert "CONTRACT_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )


SCRIPT_PRUNE = r"""
import sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession

import data_feature_extraction_and_retrieval_pipeline_spark as dferp
from data_feature_extraction_and_retrieval_pipeline_spark import caching, queries as Q
from data_feature_extraction_and_retrieval_pipeline_spark.sources import readers

SF = "/root/testdata/sf0.001"

def mk():
    return (SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())

readers.enable_table_cache(True)

s1 = mk()
readers.load_table(s1, SF, "documents").count()
Q.queries()["q1_pricing_summary"](s1, SF).collect()
n_tables_1 = len(readers._TABLE_CACHE)
assert n_tables_1 >= 1, n_tables_1
id1 = id(s1)
s1.stop()
SparkSession.builder._options = {}

s2 = mk()
readers.load_table(s2, SF, "documents").count()   # miss -> prune dead
Q.queries()["q1_pricing_summary"](s2, SF).collect()
caching.release()                                  # drops dead-session ledger rows
assert not any(k[0] == id1 for k in readers._TABLE_CACHE), "dead table cache kept"
print("PRUNE_OK")
"""


def test_dead_session_caches_pruned():
    """Stopping a session and starting another must evict the dead
    session's table cache entries (liveness pruning)."""
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT_PRUNE % {"repo": str(REPO)}],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
    )
    assert "PRUNE_OK" in proc.stdout, (
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-2000:]}"
    )


def test_registry_rotation_invariants():
    """The rotation contract the driver head depends on: exactly the
    first 50 entries are evaluated, so they must be 50 UNIQUE
    registered names; a head entry without an oracle is allowed ONLY
    for documented rows-only queries (_ROWS_ONLY_TAIL members — they
    rotate into the head to collect rows-only driver rows); every
    _DRIVER_ORDER name must exist; rows-only entries not in the head
    stay in the tail; and every registered oracle belongs to a
    registered query."""
    import sys

    sys.path.insert(0, str(REPO))
    from data_feature_extraction_and_retrieval_pipeline_spark import queries as Q

    names = list(Q.queries())
    oracles = Q.oracle_sql()
    head = names[:50]
    assert len(head) == 50
    assert len(set(head)) == 50, "duplicate names in the driver head"
    rows_only = set(Q._ROWS_ONLY_TAIL)
    missing = [n for n in head if n not in oracles and n not in rows_only]
    assert not missing, f"undocumented head entries without oracles: {missing}"
    unknown = [n for n in Q._DRIVER_ORDER if n not in Q._QUERIES]
    assert not unknown, f"_DRIVER_ORDER names not registered: {unknown}"
    tail_expected = [
        n for n in Q._ROWS_ONLY_TAIL if n in Q._QUERIES and n not in head
    ]
    if tail_expected:
        assert names[-len(tail_expected):] == tail_expected
    assert all(n not in oracles for n in rows_only), "rows-only entry has an oracle"
    assert set(oracles) <= set(Q._QUERIES)


def _newest_green_rounds(max_round=None):
    sys.path.insert(0, str(REPO / "tools"))
    import freshness_report

    return freshness_report.newest_rounds(max_round)


def test_freshness_invariants():
    """No query rides a driver row older than its last semantic change
    (queries._TOUCHED, the witness floor): a floor at or past the next
    driver round means the query must sit in the current 50-slot head
    (its row arrives this round); any other floor must already be
    covered by a green CORRECTNESS row from round >= floor. A query
    with no green row in ANY round must be in the head."""
    sys.path.insert(0, str(REPO))
    from data_feature_extraction_and_retrieval_pipeline_spark import queries as Q

    newest, seen_max = _newest_green_rounds()
    next_round = seen_max + 1
    names = list(Q.queries())
    head = set(names[:50])

    assert set(Q._TOUCHED) == set(Q._QUERIES), (
        "witness-floor map out of sync with the registry: "
        f"missing={set(Q._QUERIES) - set(Q._TOUCHED)} "
        f"extra={set(Q._TOUCHED) - set(Q._QUERIES)}"
    )
    violations = []
    for n in names:
        floor = Q._TOUCHED[n]
        nr = newest.get(n)
        if floor >= next_round or nr is None:
            if n not in head:
                violations.append(f"{n}: floor r{floor}, no row, not in head")
        elif nr < floor:
            violations.append(f"{n}: newest row r{nr} < floor r{floor}")
    assert not violations, "\n".join(violations)


def test_freshness_table_in_coverage_is_current():
    """COVERAGE.md's generated freshness table matches a regeneration
    pinned to the max round recorded in its own header (so a NEW
    CORRECTNESS_r{N}.json landing between rounds doesn't invalidate
    the committed doc — the next round's regeneration picks it up)."""
    import re

    sys.path.insert(0, str(REPO / "tools"))
    import freshness_report

    text = (REPO / "COVERAGE.md").read_text()
    assert freshness_report.BEGIN in text, "freshness table missing"
    block = text[
        text.index(freshness_report.BEGIN):
        text.index(freshness_report.END) + len(freshness_report.END)
    ]
    m = re.search(r"CORRECTNESS_r01\.\.r(\d+)", block)
    assert m, "freshness header missing the max-round pin"
    regenerated = freshness_report.build_table(int(m.group(1)))
    assert block == regenerated, (
        "COVERAGE.md freshness table is stale — run "
        "`python tools/freshness_report.py --write`"
    )
