"""The local twin of the driver's correctness gate: every catalog query
with an oracle is executed on Spark and DuckDB over the same fixtures and
must match cell-for-cell (order-insensitive).  Rows-only queries are
smoke-executed (>=0 rows, stable schema)."""

from __future__ import annotations

import os
import sys

import pytest

from real_time_big_data_iot_monitoring_pipeline_spark.plans import DRIVER_WINDOW, REGISTRY
from tests.compare import assert_frames_match

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from backlog_audit import changed_queries  # noqa: E402

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

# Most changed queries the default run executes beyond the driver window.
CHANGED_CAP = 40


def _changed_leg() -> list:
    """The oracle queries outside DRIVER_WINDOW whose code changed since
    the last driver-verified tree (tools/backlog_audit.py), sorted and
    capped; what cannot run here is one loudly skipped entry."""
    changed = changed_queries()
    if changed is None:
        reason = "git history unavailable: the changed-query leg has no anchor commit"
        return [pytest.param("no-git-history", marks=pytest.mark.skip(reason=reason))]
    extra = sorted(n for n in changed if n not in DRIVER_WINDOW and REGISTRY[n].oracle)
    leg: list = extra[:CHANGED_CAP]
    left_out = extra[CHANGED_CAP:]
    if left_out:
        reason = (
            f"{len(left_out)} changed oracle queries past the cap of {CHANGED_CAP} did not run: "
            f"{', '.join(left_out)}; run them with: python -m pytest tests/test_oracle_parity.py "
            f"-m slow -k \"test_oracle_match and ({' or '.join(left_out)})\""
        )
        leg.append(pytest.param("past-the-cap", marks=pytest.mark.skip(reason=reason)))
    return leg


def _check(name, spark, sf_dir, oracle):
    q = REGISTRY[name]
    spark_pdf = q.build(spark, sf_dir).toPandas()
    oracle_pdf = oracle.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


# The default run checks the 50-query DRIVER_WINDOW the driver hashes, plus
# every oracle query whose code changed since the driver last verified the
# tree.  The full 398-query leg is `slow`.
@pytest.mark.parametrize("name", [n for n in DRIVER_WINDOW if REGISTRY[n].oracle])
def test_oracle_match_driver_window(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.parametrize("name", _changed_leg())
def test_oracle_match_changed(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.slow
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_match(name, spark, sf_dir, oracle):
    _check(name, spark, sf_dir, oracle)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_smoke(name, spark, sf_dir):
    q = REGISTRY[name]
    df = q.build(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


_FIXTURE_PKG = "real_time_big_data_iot_monitoring_pipeline_spark"
_FIXTURE_VERIFIED = {
    f"{_FIXTURE_PKG}/__init__.py": "",
    f"{_FIXTURE_PKG}/dep.py": f"from {_FIXTURE_PKG} import dep2\n\n\ndef f():\n    return dep2.g()\n",
    f"{_FIXTURE_PKG}/dep2.py": "def g():\n    return 10\n",
    f"{_FIXTURE_PKG}/mods.py": "def kept():\n    return 20\n\n\ndef dead():\n    return 21\n",
    "q.py": f'''_CONST = (1, 2)


def edited(spark, sf_dir):
    return 1


def sibling(spark, sf_dir):
    """Returns what edited returned, without calling edited."""
    return 2


def tag(sql):
    return lambda f: f


@tag("SELECT 1")
def oracle_edited(spark, sf_dir):
    return 5


def reads_const(spark, sf_dir):
    return _CONST


def lookup(name):
    return name


def looks_up(spark, sf_dir):
    return lookup("edited")


def chain(spark, sf_dir):
    return _b()


def _b():
    return _c()


def _c():
    return 6


def two_hops(spark, sf_dir):
    from {_FIXTURE_PKG}.dep import f

    return f()


def uses_mod(spark, sf_dir):
    from {_FIXTURE_PKG} import mods

    return mods.kept()
''',
}


def test_changed_queries_follow_reached_code(tmp_path):
    """On a two-commit history a query is changed exactly when code it
    reaches changed: its builder (oracle SQL in the decorator included, a
    new builder), a same-file def reached transitively or by a string
    lookup, a module constant it reads, or a def two imports away.  A
    docstring mention of an edited builder, a comment added between defs
    and a deleted def nothing calls in a module-bound file change
    nothing."""
    import importlib.util
    import subprocess

    def git(*args):
        subprocess.run(["git", "-C", str(tmp_path), *args], check=True, capture_output=True)

    for rel, text in {**_FIXTURE_VERIFIED, "CORRECTNESS_r01.json": "{}"}.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(text)
    git("init", "-q")
    git("add", "-A")
    git("-c", "user.name=t", "-c", "user.email=t@t", "commit", "-q", "-m", "verified")
    edits = {
        "q.py": [
            ("return 1", "return 3"),
            ("SELECT 1", "SELECT 2"),
            ("(1, 2)", "(1, 3)"),
            ("return 6", "return 7"),
            ("\n\n\ndef sibling(", "\n\n\n# a comment-only edit between defs\ndef sibling("),
        ],
        f"{_FIXTURE_PKG}/dep2.py": [("return 10", "return 11")],
        f"{_FIXTURE_PKG}/mods.py": [("\n\n\ndef dead():\n    return 21\n", "\n")],
    }
    for rel, subs in edits.items():
        text = (tmp_path / rel).read_text()
        for old, new in subs:
            assert old in text
            text = text.replace(old, new)
        (tmp_path / rel).write_text(text)
    with open(tmp_path / "q.py", "a") as f:
        f.write("\n\ndef added(spark, sf_dir):\n    return 4\n")
    spec = importlib.util.spec_from_file_location("changed_fixture_q", tmp_path / "q.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = ("edited", "sibling", "oracle_edited", "reads_const", "looks_up", "chain",
             "two_hops", "uses_mod", "added")
    assert changed_queries(str(tmp_path), {n: getattr(mod, n) for n in names}) == {
        "added": ["builder"],
        "chain": ["helper:_c"],
        "edited": ["builder"],
        "looks_up": ["helper:edited"],
        "oracle_edited": ["builder"],
        "reads_const": ["helper:_CONST"],
        "two_hops": [f"{_FIXTURE_PKG}/dep2.py:g"],
    }
