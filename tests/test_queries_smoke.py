"""Contract smoke: every registered query runs at sf0.001 and returns
a stable, non-degenerate result; every declared query has matching
column names with its oracle's aliases (the driver hashes by sorted
column name, so a name drift is an automatic mismatch).

The registry and driver-contract gates live here too: SURVEY.md ↔
registry parity, oracle guards the type-strict driver hasher needs,
the DRIVER_PRIORITY window and staleness-order pins, and the bench.py
contract guard.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

import __spark_entry__ as entry

SLOW = {"q_ml_grid_search", "q_ml_random_search"}  # CV fits: covered by t2
# q_join_theta's selective value filters leave no qualifying pairs in
# the 1000-event sf0.001 fixture; it returns 6 rows at sf0.01 (t2).
# q_tpch_q7's nation pair doesn't exist among sf0.001's 10 suppliers;
# it returns 4 rows at sf0.01 (the driver's correctness grain).
EMPTY_OK: set[str] = {"q_join_theta", "q_tpch_q7"}


@pytest.fixture(scope="module")
def registry():
    return entry.queries(), entry.oracle_sql()


def test_every_query_has_docstring_and_registration(registry):
    queries, oracles = registry
    assert len(queries) >= 60
    for name, fn in queries.items():
        assert fn.__doc__, f"{name} lacks a docstring"
        assert name.startswith("q_"), name
    assert set(oracles) <= set(queries)


def test_baseline_table_covers_registry(registry):
    """bench.py's regression gate parses BASELINE.md with a
    silent-on-miss regex (baseline_walls): a malformed table edit
    would shrink regression coverage with no signal (VERDICT r13
    item 7 / r14 item 3). Pin: every registered key has exactly one
    parsed baseline wall, and the table carries no stale keys."""
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    walls = bench.baseline_walls()
    queries, _ = registry
    missing = set(queries) - set(walls)
    stale = set(walls) - set(queries)
    assert not missing, f"BASELINE.md lacks rows for: {sorted(missing)}"
    assert not stale, f"BASELINE.md has rows for unregistered: {sorted(stale)}"
    assert all(w > 0 for w in walls.values())


def test_entry_flagship_runs(spark):
    df = entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_runs_nonempty(spark, sf_dir, name, registry):
    if name in SLOW:
        pytest.skip("CV grid search exercised by the t2 harness")
    queries, _ = registry
    df = queries[name](spark, sf_dir)
    n = df.count()
    if name not in EMPTY_OK:
        assert n > 0, f"{name} returned no rows at sf0.001"


@pytest.mark.parametrize("name", sorted(entry.oracle_sql()))
def test_declared_columns_appear_in_oracle(spark, sf_dir, name, registry):
    """Every Spark output column name must appear in the oracle SQL —
    the driver sorts columns by name before hashing, so a name drift
    between the two sides is an automatic hash mismatch. Plan-only
    (no job runs): building the DataFrame is enough to read columns."""
    if name in SLOW:
        pytest.skip("CV grid search exercised by the t2 harness")
    queries, oracles = registry
    cols = queries[name](spark, sf_dir).columns
    sql_l = oracles[name].lower()
    for col in cols:
        assert re.search(rf"\b{re.escape(col.lower())}\b", sql_l), (
            f"{name}: column {col!r} not found in oracle SQL"
        )


def test_survey_section7_counts_match_registry():
    """SURVEY §7's '<N> registered queries (<M> declared' prose must
    match the live registry — the counts drifted silently in r9/r10
    because the drift gate only checked key PRESENCE."""
    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    m = re.search(r"(\d+) registered queries \((\d+) declared", survey)
    assert m, "SURVEY §7 count sentence not found"
    qs = entry.queries()
    oracles = entry.oracle_sql()
    n_declared = sum(1 for k in qs if oracles.get(k))
    assert int(m.group(1)) == len(qs), (
        f"SURVEY says {m.group(1)} registered, registry has {len(qs)}"
    )
    assert int(m.group(2)) == n_declared, (
        f"SURVEY says {m.group(2)} declared, registry has {n_declared}"
    )


def test_survey_keys_match_registry_exactly():
    """Key-level SURVEY§2↔registry parity (VERDICT r15 item 2): every
    backticked `q_*` in SURVEY.md must resolve to a registered key,
    and every registered key must appear in SURVEY — the gate whose
    absence let two 'declared' phantom rows (q_ts_concurrency,
    q_graph_hits) survive from r11 to r16 with no code behind them.
    The one range row (`q_tpch_q2`…`q_tpch_q22`) is expanded."""
    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    mentioned = set(re.findall(r"`(q_\w+)`", survey))
    if "q_tpch_q2" in mentioned and "q_tpch_q22" in mentioned:
        mentioned |= {f"q_tpch_q{i}" for i in range(2, 23)}
    registered = set(entry.queries())
    assert registered - mentioned == set(), (
        f"registered keys missing from SURVEY: "
        f"{sorted(registered - mentioned)}"
    )
    assert mentioned - registered == set(), (
        f"SURVEY names unregistered keys (phantom rows): "
        f"{sorted(mentioned - registered)}"
    )


def test_survey_2b_one_row_per_key():
    """SURVEY §2B is the contract document: exactly ONE table row per
    registered query key (VERDICT r11 item 6 — q_ml_ndcg and
    q_sketch_kmv each carried a stale duplicate row), and a row for
    EVERY registered key."""
    import os
    import re

    import __spark_entry__ as entry

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    # A row's KEY CELL is the first `|`-cell; combined rows list
    # several keys (`q_a` / `q_b`), the TPC-H row a range
    # (`q_tpch_q2`…`q_tpch_q22`).
    keyed = []
    for cell in re.findall(r"^\| ((?:`q_\w+`)[^|]*) \|", survey, re.M):
        rng = re.match(r"`(q_tpch_q)(\d+)`…`q_tpch_q(\d+)`", cell)
        if rng:
            keyed.extend(
                f"{rng.group(1)}{i}"
                for i in range(int(rng.group(2)), int(rng.group(3)) + 1)
            )
        else:
            keyed.extend(re.findall(r"`(q_\w+)`", cell))
    dupes = sorted({k for k in keyed if keyed.count(k) > 1})
    assert not dupes, f"duplicate SURVEY §2B rows: {dupes}"
    missing = sorted(set(entry.queries()) - set(keyed))
    assert not missing, f"registered keys missing a SURVEY row: {missing}"


def test_driver_priority_is_complete_and_unique():
    """Every registered key appears exactly once in DRIVER_PRIORITY —
    a key missing from the list would silently fall to dict-insertion
    order behind the 50-key window forever."""
    import __spark_entry__ as entry
    from spark_sklearn_spark.registry import DRIVER_PRIORITY

    qs = entry.queries()
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY))
    assert set(DRIVER_PRIORITY) == set(qs)


def test_rich_club_oracle_casts_grid_key():
    """The oracle's UNION-row grid key k must carry an explicit
    BIGINT cast (DuckDB bare integer literals are INTEGER; the
    driver hasher is type-strict — CORRECTNESS_r07 precedent)."""
    sql = entry.oracle_sql()["q_graph_rich_club"]
    assert "CAST(1 AS BIGINT) AS k" in sql
    assert "SELECT 1 AS k" not in sql


def test_odds_ratio_oracle_guards_ln_numerator():
    """The Wald CI's ln argument must NULLIF-guard BOTH numerator
    cells: a=0 or d=0 makes ln(0) diverge across engines (Spark
    NULL, DuckDB -inf)."""
    sql = entry.oracle_sql()["q_ml_odds_ratio"]
    assert sql.count("ln(CAST(NULLIF(a, 0) AS DOUBLE)") == 2
    assert "ln(CAST(a AS DOUBLE)" not in sql


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# The live driver window's head: the 10 r18-restructured keys, in their
# pinned head order (slot 0 is the canary). See registry.py's rotation
# comment for what changed in each.
R18_CHANGED = [
    "q_dedup_recall_minhash",
    "q_dedup_incremental",
    "q_dedup_editdist",
    "q_graph_copurchase",
    "q_ml_grid_search",
    "q_ml_random_search",
    "q_ml_kcenter_init",
    "q_dedup_cdc",
    "q_dedup_minhash",
    "q_ml_label_noise_knn",
]


def test_window_head_is_canary_plus_changed_keys():
    from spark_sklearn_spark.registry import DRIVER_PRIORITY

    assert DRIVER_PRIORITY[:11] == ["q_dq_engine_canary", *R18_CHANGED]


def test_priority_tail_is_staleness_ordered():
    """Behind the 11-key head the list is (latest-sample round, name)
    sorted — recomputed from CORRECTNESS_r1..r17 at rotation time.
    The 50-key window carries the 12 remaining r8-band keys and the
    name-first slice of the r9 band."""
    import glob
    import re

    from spark_sklearn_spark.registry import DRIVER_PRIORITY

    latest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        if rnd >= 18:
            continue  # rotation derives from pre-r18 evidence only
        for k in json.load(open(f)):
            latest[k] = max(latest.get(k, 0), rnd)
    tail = DRIVER_PRIORITY[11:]
    keys_rounds = [(latest.get(k, 0), k) for k in tail]
    assert keys_rounds == sorted(keys_rounds)


def test_bench_honors_sf_dir_env_without_argv():
    """$SPARK_GRAFT_SF_DIR is the sf_dir when no argv is given: with
    the env pointed at a nonexistent directory, bench.py must fail its
    sf_dir validation (exit 2) BEFORE starting Spark, naming that
    directory — proving the env var is actually consumed."""
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/nonexistent/sfX"}
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=60,
    )
    assert p.returncode == 2
    assert "/nonexistent/sfX" in p.stderr


def test_bench_rejects_flag_argv():
    """Flag-like argv must not be parsed as an sf_dir (the --help
    incident in CLAUDE.md): exit 2, usage on stderr, no JSON."""
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--help"],
        capture_output=True, text=True, cwd=REPO, timeout=60,
    )
    assert p.returncode == 2
    assert "Benchmark harness" in p.stderr


def test_bench_emits_one_line_json_and_honors_cpus():
    """End-to-end contract: a real (partial) bench run at sf0.001 with
    $SPARK_GRAFT_CPUS=4 must print a final stdout line that parses as
    JSON with the contract fields, report the env cpu count, the sf
    parsed from the dir, and per-query timings for exactly the
    requested queries."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("sf0.001 fixture missing")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), sf_dir,
         "q_scan_parquet"],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    line = p.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "total_wall_sec"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["cpus"] == "4"
    assert out["n_queries"] == 1
    assert out["n_errors"] == 0
    assert set(out["queries"]) == {"q_scan_parquet"}
    assert all(v >= 0 for v in out["queries"].values())
