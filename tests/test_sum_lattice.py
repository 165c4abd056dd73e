"""Each series rule has one owner, so no caller can drift from the
rule the DuckDB oracles mirror:

- every exact sum accumulates on one decimal lattice, owned by
  ``operators/aggregate.lattice`` / ``exact_sum`` — no other module
  spells the string-routed decimal cast;
- graphite's nearest-rank percentile is spelled once, in
  ``series._nearest_rank``;
- the ``MAX_RANKED_SERIES`` cardinality guard raises from one place,
  ``series._ranked_series_guard``."""

import ast
import glob
import inspect
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ``.cast("string")`` then ``.cast("decimal(30,10)")``, across lines
LATTICE_CAST = re.compile(
    r'\.cast\(\s*"string"\s*\)\s*\.cast\(\s*"decimal\(30,\s*10\)"\s*\)'
)

#: ``ceil(n·(cnt+1)/100)`` as exact integer ``div``
NEAREST_RANK = re.compile(r"\+\s*99\s*\)\s*div\s+100")

#: no registry-prefix entry reaches plans/render.py, so the rotation
#: guard lets it change only at the round-end regen; its ``_DEC``
#: moves onto ``aggregate.lattice`` and its ``_name_rank`` guard onto
#: ``series._ranked_series_guard`` then.
LATTICE_EXCEPTIONS = {"ceres_spark/plans/render.py"}
GUARD_EXCEPTIONS = {"ceres_spark/plans/render.py:_name_rank"}


def _package_sources():
    for path in sorted(glob.glob(
        os.path.join(REPO, "ceres_spark", "**", "*.py"), recursive=True
    )):
        yield os.path.relpath(path, REPO), open(path).read()


def test_decimal_sum_lattice_lives_only_in_aggregate():
    offenders = set()
    for rel, src in _package_sources():
        if rel == "ceres_spark/operators/aggregate.py":
            continue
        if LATTICE_CAST.search(src):
            offenders.add(rel)
    assert offenders == LATTICE_EXCEPTIONS


def test_nearest_rank_lives_only_in_series_owner():
    import ceres_spark.operators.series as ser

    hits = {
        rel: len(NEAREST_RANK.findall(src))
        for rel, src in _package_sources() if NEAREST_RANK.search(src)
    }
    assert hits == {"ceres_spark/operators/series.py": 1}
    assert NEAREST_RANK.search(inspect.getsource(ser._nearest_rank))


def _guard_raisers(rel, src):
    """Functions that name ``MAX_RANKED_SERIES`` and call
    ``raise_error``."""
    for fn in ast.walk(ast.parse(src)):
        if isinstance(fn, ast.FunctionDef):
            names = {
                getattr(n, "id", None) or getattr(n, "attr", None)
                for n in ast.walk(fn)
            }
            if {"MAX_RANKED_SERIES", "raise_error"} <= names:
                yield f"{rel}:{fn.name}"


def test_series_rank_guard_lives_only_in_series_owner():
    raisers = set()
    for rel, src in _package_sources():
        raisers.update(_guard_raisers(rel, src))
    assert raisers == {
        "ceres_spark/operators/series.py:_ranked_series_guard"
    } | GUARD_EXCEPTIONS
