"""Pin tools/parity_names.py's top-level ORDER BY detector (ADVICE r10 /
r11 code review): the order-sensitive compare must engage exactly when the
oracle declares an OUTPUT order — an ``ORDER BY`` at paren depth 0 — and
must NOT be tripped by ORDER BY inside ``OVER (...)`` windows or CTE
subqueries, which say nothing about output order. Below those pins, the
runner itself (``run``'s outcome classes, Spark-free), a structural
guard that it stays the one Spark-vs-DuckDB comparison, and the conf
restore of ``session_confs``."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.parity_names import has_top_level_order_by


def test_detects_terminal_order_by():
    assert has_top_level_order_by("SELECT * FROM t ORDER BY a")
    assert has_top_level_order_by("select * from t order by a nulls last")
    assert has_top_level_order_by(
        "SELECT sum(x) FROM t GROUP BY z ORDER BY z LIMIT 5"
    )


def test_ignores_window_and_subquery_order_by():
    assert not has_top_level_order_by(
        "SELECT row_number() OVER (ORDER BY a) AS r FROM t"
    )
    assert not has_top_level_order_by(
        "WITH c AS (SELECT * FROM t ORDER BY a LIMIT 5) SELECT * FROM c"
    )
    assert not has_top_level_order_by("SELECT * FROM t")


def test_cte_plus_terminal_order_by():
    assert has_top_level_order_by(
        "WITH c AS (SELECT * FROM t ORDER BY a LIMIT 5) "
        "SELECT * FROM c ORDER BY b"
    )


def test_skips_string_literals_and_comments():
    # ADVICE r11: literals/comments must not corrupt the depth scan or
    # produce a phantom ORDER BY match.
    assert not has_top_level_order_by("SELECT ' order by x' AS s FROM t")
    assert not has_top_level_order_by("SELECT * FROM t -- order by a\n")
    # unbalanced paren inside a literal must not hide a real ORDER BY ...
    assert has_top_level_order_by("SELECT '(' AS s FROM t ORDER BY s")
    assert has_top_level_order_by("SELECT ')' AS s FROM t ORDER BY s")
    # ... nor inside a comment
    assert has_top_level_order_by(
        "SELECT x -- weird (\nFROM t ORDER BY x"
    )
    # '' escape stays inside the literal
    assert not has_top_level_order_by(
        "SELECT 'it''s ( order by' AS s FROM t"
    )
    assert has_top_level_order_by(
        "SELECT 'it''s )' AS s FROM t ORDER BY s"
    )


def _reference_classifier(sql: str) -> bool:
    """Independent literal/comment-aware reference: strip quoted literals
    ('' escapes included) and -- comments with regexes, then depth-scan."""
    import re

    stripped = re.sub(r"'(?:[^']|'')*'", "''", sql)
    stripped = re.sub(r"--[^\n]*", "", stripped)
    depth = 0
    for i, ch in enumerate(stripped.lower()):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and stripped.lower().startswith("order by", i):
            return True
    return False


def test_every_registered_oracle_classification_is_stable():
    # Both directions (ADVICE r11): the tool's classifier must agree with
    # the independent literal/comment-aware reference parser on EVERY
    # registered oracle — a disagreement either suppresses the
    # order-sensitive compare (missed detection) or raises a spurious
    # ORDER-ONLY failure (false positive).
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from __spark_entry__ import oracle_sql

    oracles = oracle_sql()
    assert len(oracles) > 100
    disagree = [
        n
        for n, s in oracles.items()
        if has_top_level_order_by(s) != _reference_classifier(s)
    ]
    assert disagree == []
    # The safety rule the old "every ORDER BY is top-level" pin stood in
    # for (CLAUDE.md alignment rules): an oracle whose compare is
    # order-INsensitive (no top-level ORDER BY) must not carry a
    # top-level LIMIT — LIMIT without a total order is non-deterministic
    # across engines. Nested-only ORDER BY with no LIMIT is fine: the
    # driver hash is order-insensitive, so a top-level sort would be a
    # single-partition stage bought for nothing.
    import re

    def _top_level_limit(sql: str) -> bool:
        stripped = re.sub(r"'(?:[^']|'')*'", "''", sql)
        stripped = re.sub(r"--[^\n]*", "", stripped).lower()
        depth = 0
        for i, ch in enumerate(stripped):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif (
                depth == 0
                and stripped.startswith("limit", i)
                and (i == 0 or not stripped[i - 1].isalnum())
                and stripped[i - 1 : i] != "_"
                and (
                    i + 5 >= len(stripped)
                    or not (stripped[i + 5].isalnum() or stripped[i + 5] == "_")
                )
            ):
                return True
        return False

    unsafe = [
        n
        for n, s in oracles.items()
        if _top_level_limit(s) and not has_top_level_order_by(s)
    ]
    assert unsafe == []
    # and pin the set of oracles that rely on order-insensitive compare
    # while still mentioning nested ORDER BYs, so a new one is a conscious
    # decision, not an accident (empty since the SimHash pair oracles
    # share one generator, which declares no order):
    nested_only = sorted(
        n
        for n, s in oracles.items()
        if "order by" in s.lower() and not has_top_level_order_by(s)
    )
    assert nested_only == []


def test_no_oracle_uses_the_classifiers_blind_spots():
    # ADVICE r12: the tool AND the reference classifier share two blind
    # spots — /* */ block comments and double-quoted identifiers (which
    # could smuggle quotes/parens past the depth scan). The agreement test
    # above cannot catch them, so pin that no registered oracle uses
    # either construct; if one ever legitimately needs them, extend BOTH
    # classifiers first.
    import databricks_spark_sql_challenge1_spark.operators  # noqa: F401
    from __spark_entry__ import oracle_sql

    offenders = [
        n for n, s in oracle_sql().items() if "/*" in s or '"' in s
    ]
    assert offenders == []


class _Stub:
    """A Spark-DataFrame stand-in: ``columns`` and ``collect()``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def _stub(columns, rows):
    return lambda spark, sf_dir: _Stub(columns, rows)


def _raise(spark, sf_dir):
    raise ValueError("stub spark failure")


def test_runner_outcome_classes(tmp_path, monkeypatch):
    """Every outcome class of tools/parity_names.run, Spark-free: stub
    queries against in-memory DuckDB oracles."""
    import tools.parity_names as pn

    monkeypatch.setattr(pn, "DUCK_BUDGET_S", 0.5)
    two = "SELECT * FROM (VALUES (1), (2)) t(a)"
    queries = {
        "match": _stub(["a"], [(1,), (2,)]),
        "unordered": _stub(["a"], [(2,), (1,)]),
        "order_only": _stub(["a"], [(2,), (1,)]),
        "value_diff": _stub(["a"], [(1,), (3,)]),
        "count_diff": _stub(["a"], [(1,)]),
        "column_diff": _stub(["b"], [(1,), (2,)]),
        "float_repr": _stub(["a"], [(0.0,)]),
        "spark_err": _raise,
        "duck_err": _stub(["a"], [(1,)]),
        "after_duck_err": _stub(["a"], [(1,), (2,)]),
        "slow": _stub(["a"], [(1,)]),
        "no_oracle": _stub(["a"], [(1,)]),
    }
    oracles = {
        "match": two,
        "unordered": two,
        "order_only": two + " ORDER BY a",
        "value_diff": two,
        "count_diff": two,
        "column_diff": two,
        "float_repr": "SELECT -0.0::DOUBLE AS a",
        "spark_err": two,
        "duck_err": "SELECT * FROM no_such_table",
        "after_duck_err": two,
        # slow in constant memory: a streamed filter, no materialized side
        "slow": "SELECT count(*) AS a FROM range(1000000000000) t(x) "
                "WHERE hash(x) = 0",
    }
    names = list(queries)
    got = {
        oc.name: oc
        for oc in pn.run(None, names, str(tmp_path), queries=queries,
                         oracles=oracles)
    }
    assert list(got) == names
    assert {n: oc.status for n, oc in got.items()} == {
        "match": "match",
        # a row-order difference passes without a top-level ORDER BY ...
        "unordered": "match",
        # ... and fails, reported apart, under one
        "order_only": "ORDER-ONLY",
        "value_diff": "diff",
        "count_diff": "diff",
        "column_diff": "diff",
        # cells compare str-exact: -0.0 is not 0.0
        "float_repr": "diff",
        "spark_err": "spark-error",
        "duck_err": "duck-error",
        # a DuckDB error does not stop the sweep
        "after_duck_err": "match",
        "slow": "watchdog-skip",
        "no_oracle": "duck-error",
    }
    assert got["match"].rows == [("1",), ("2",)]
    assert (got["match"].spark_n, got["match"].duck_n) == (2, 2)
    assert got["order_only"].diffs == [(("2",), ("1",))]
    assert got["value_diff"].diffs == [(("3",), ("2",))]
    assert (got["count_diff"].spark_n, got["count_diff"].duck_n) == (1, 2)
    assert got["column_diff"].diffs == [(["b"], ["a"])]
    assert isinstance(got["spark_err"].error, ValueError)
    # errors are kept without their frames (which would pin the query's
    # DataFrame, and its JVM plan, for as long as the outcome lives)
    assert all(oc.error.__traceback__ is None
               for oc in got.values() if oc.error is not None)
    assert got["spark_err"].duck_n is None
    assert "no_such_table" in str(got["duck_err"].error)
    assert got["slow"].spark_n == 1 and got["slow"].duck_n is None


def test_runner_views_follow_the_files_present(tmp_path):
    """DuckDB gets one view per catalog.TABLES file in ``duck_dir``, read
    from ``duck_dir`` while Spark reads ``spark_dir``."""
    import duckdb

    import tools.parity_names as pn

    duck_dir = tmp_path / "duck"
    duck_dir.mkdir()
    duckdb.connect().execute(
        f"COPY (SELECT 7 AS n) TO '{duck_dir}/nation.parquet' (FORMAT PARQUET)"
    )
    seen = []

    def query(spark, sf_dir):
        seen.append(sf_dir)
        return _Stub(["n"], [(7,)])

    outcomes = pn.run(
        None, ["nation", "region"], str(tmp_path), str(duck_dir),
        queries={"nation": query, "region": query},
        oracles={"nation": "SELECT n FROM nation",
                 "region": "SELECT 7 AS n FROM region"},
    )
    assert [oc.status for oc in outcomes] == ["match", "duck-error"]
    assert seen == [str(tmp_path)] * 2


def test_one_parity_runner():
    """Structural guard (no Spark): across tools/*.py and tests/*.py the
    DuckDB watchdog timer is started in one place, and no registered
    oracle is executed outside tools/parity_names.py — every oracle
    lookup (``o[name]``, ``ORACLES[...]``) reaches DuckDB through
    ``run`` or ``oracle_rows``."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(root, "tools", "*.py"))
                   + glob.glob(os.path.join(root, "tests", "*.py")))
    timer = "threading." + "Timer("
    timers = {
        os.path.relpath(f, root): open(f).read().count(timer) for f in files
    }
    assert {f: n for f, n in timers.items() if n} == {"tools/parity_names.py": 1}
    lookups = []
    for f in files:
        for node in ast.walk(ast.parse(open(f).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("execute", "sql")
                and node.args
                and isinstance(node.args[0], ast.Subscript)
            ):
                lookups.append((os.path.relpath(f, root), node.lineno))
    assert lookups == []


def test_session_confs_restores_every_key(spark):
    """After a perturbation block every key reads its pre-block value,
    including the keys that had no explicit value before it (they are
    unset again, not left at the probe value for every later test)."""
    from tools.parity_names import LAYOUT_CONFS, STRATEGY_CONFS, session_confs

    confs = LAYOUT_CONFS + STRATEGY_CONFS
    before = {k: spark.conf.get(k) for k, _v in confs}
    with session_confs(spark, confs):
        assert {k: spark.conf.get(k) for k, _v in confs} == dict(confs)
    assert {k: spark.conf.get(k) for k, _v in confs} == before
