"""Every exact sum accumulates on one decimal lattice, owned by
``operators/aggregate.lattice`` / ``exact_sum``: no other module
spells the string-routed decimal cast, so no caller can drift from
the rule the DuckDB oracles mirror."""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ``.cast("string")`` then ``.cast("decimal(30,10)")``, across lines
LATTICE_CAST = re.compile(
    r'\.cast\(\s*"string"\s*\)\s*\.cast\(\s*"decimal\(30,\s*10\)"\s*\)'
)

#: no registry-prefix entry reaches plans/render.py, so the rotation
#: guard lets it change only at the round-end regen; its ``_DEC``
#: moves onto ``aggregate.lattice`` then.
LATTICE_EXCEPTIONS = {"ceres_spark/plans/render.py"}


def test_decimal_sum_lattice_lives_only_in_aggregate():
    offenders = set()
    for path in glob.glob(os.path.join(REPO, "ceres_spark", "**", "*.py"),
                          recursive=True):
        rel = os.path.relpath(path, REPO)
        if rel == "ceres_spark/operators/aggregate.py":
            continue
        if LATTICE_CAST.search(open(path).read()):
            offenders.add(rel)
    assert offenders == LATTICE_EXCEPTIONS
