"""Registry-prefix rotation guard (VERDICT r6 #8): the driver's
correctness gate only checks the first 50 ``queries()`` entries, so
the per-round rotation of that prefix was the one high-stakes manual
step. tools/prefix_state.py turns the rotation rule into data; these
tests make it a failing build instead of a docstring.

No Spark session needed — everything is source + JSON inspection."""

import json
import os

import tools.prefix_state as ps


def test_prefix_is_exactly_fifty_entries():
    assert len(ps.live_prefix()) == ps.PREFIX_LEN


def test_rotation_rule_holds():
    """Changed-but-parked entries, red-latest-row entries parked,
    changed modules with no prefix coverage, and staler-than-parked
    promotions all fail here with a named violation."""
    problems = ps.check()
    assert problems == [], "\n".join(problems)


def test_baseline_covers_every_registry_entry():
    base = json.load(open(ps.BASELINE))
    entries = set(ps.entry_sources())
    missing = entries - set(base["entries"])
    stale = set(base["entries"]) - entries
    assert not missing, f"entries missing from baseline: {missing}"
    assert not stale, f"baseline records removed entries: {stale}"


def test_every_prefix_entry_resolves_and_every_oracle_names_a_query():
    import __spark_entry__ as m

    qs, oracles = m.queries(), m.oracle_sql()
    assert set(oracles) <= set(qs)
    for name in ps.live_prefix():
        assert callable(qs[name])


def test_last_checked_rounds_parse_all_correctness_files():
    rounds = ps.last_checked_rounds()
    assert len(rounds) >= 150  # r1-r6 union covered 191 entries
    assert all(1 <= r <= 99 for r, _ in rounds.values())


def test_check_flags_a_mutated_parked_entry():
    """Tamper detection: flip one parked entry's recorded hash and
    the guard must name it."""
    base = json.load(open(ps.BASELINE))
    prefix = set(ps.live_prefix())
    parked = next(
        n for n in base["entries"] if n not in prefix
    )
    tampered = json.loads(json.dumps(base))
    tampered["entries"][parked]["qfn_md5"] = "0" * 32
    problems = ps.check(tampered)
    assert any(parked in p for p in problems), problems


def test_check_flags_uncovered_module_change():
    base = json.load(open(ps.BASELINE))
    tampered = json.loads(json.dumps(base))
    # invent an unreferenced module hash change: pick a real module
    # and fake its baseline hash, then assert either it's covered by
    # a prefix entry (fine) or the guard flags it
    refs = ps.entry_module_refs()
    prefix = set(ps.live_prefix())
    covered = set()
    for e in prefix:
        covered |= refs.get(e, set())
    reachable = set()
    for r in refs.values():
        reachable |= r
    # a module some entry COULD cover but no prefix entry does — the
    # allowlisted pytest-only modules are exempt by design (r9), so
    # skip those unless they're reachable (reachable wins)
    uncovered = [
        m for m in base["modules"]
        if m not in covered
        and (m in reachable or m not in ps.PYTEST_ONLY_MODULES)
    ]
    if not uncovered:  # every module referenced from the prefix
        return
    tampered["modules"][uncovered[0]] = "0" * 32
    problems = ps.check(tampered)
    assert any(uncovered[0] in p for p in problems), problems


def test_pytest_only_module_change_is_exempt_but_unlisted_flags():
    base = json.load(open(ps.BASELINE))
    refs = ps.entry_module_refs()
    reachable = set()
    for r in refs.values():
        reachable |= r
    # allowlisted + unreachable: change passes the module rule
    exempt = [
        m for m in ps.PYTEST_ONLY_MODULES
        if m in base["modules"] and m not in reachable
    ]
    assert exempt, "allowlist lost its purpose — update the guard"
    tampered = json.loads(json.dumps(base))
    tampered["modules"][exempt[0]] = "0" * 32
    assert not any(exempt[0] in p for p in ps.check(tampered))
    # unreachable but NOT allowlisted: must flag with the deliberate-
    # decision message
    unlisted = [
        m for m in base["modules"]
        if m not in reachable and m not in ps.PYTEST_ONLY_MODULES
    ]
    if unlisted:
        tampered = json.loads(json.dumps(base))
        tampered["modules"][unlisted[0]] = "0" * 32
        problems = ps.check(tampered)
        assert any(
            unlisted[0] in p and "PYTEST_ONLY_MODULES" in p
            for p in problems
        ), problems


def test_one_prefix_list_and_queries_start_with_it():
    """Superseded prefix lists must not grow back: exactly one
    module-level ``_R<n>_PREFIX`` name, and it is the live order."""
    import re

    import __spark_entry__ as m

    names = [n for n in vars(m) if re.fullmatch(r"_R\d+_PREFIX", n)]
    assert len(names) == 1, names
    prefix = getattr(m, names[0])
    assert list(m.queries())[: len(prefix)] == prefix


def test_codec_dependency_closure_reaches_jpeg_arith():
    """decode_jpeg hands SOF9/SOF10 frames to jpeg_arith, so an entry
    that decodes JPEGs covers jpeg_arith.py: the import scan must see
    that dependency (it reads absolute ``ceres_spark`` imports only)."""
    refs = ps.entry_module_refs()
    assert "ceres_spark/operators/jpeg_arith.py" in refs["multimodal_decode"]
