"""The differential fuzz campaigns (tools/fuzz.py): a tier-1 slice of
every campaign, the driver's exit status on divergent and raising
checks, and the table's reach over every ``tools/fuzz_*.py`` module."""

import glob
import inspect
import os

import pytest

from tools.fuzz import CAMPAIGNS, divergences, main

TOOLS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize("family", list(CAMPAIGNS))
def test_campaign_slice(request, family):
    c = CAMPAIGNS[family]
    spark = request.getfixturevalue("spark") if c.spark else None
    assert list(divergences(family, 0, c.slice, spark)) == []


def _replace_check(monkeypatch, family, check):
    monkeypatch.setitem(CAMPAIGNS, family,
                        CAMPAIGNS[family]._replace(check=check))


def test_divergent_seed_fails_the_run(monkeypatch, capsys):
    _replace_check(monkeypatch, "docx", lambda seeds, spark: [
        f"seed {s}: planted" for s in seeds if s == 1])
    assert main(["docx", "0", "3"]) == 1
    assert capsys.readouterr().out.splitlines() == [
        "seed 1: planted", "docx: 3 seeds, 1 divergent"]
    assert main(["docx", "2", "5"]) == 0


def test_raising_check_is_a_divergence_and_the_run_goes_on(monkeypatch):
    ran = []

    def check(seeds, spark):
        ran.extend(seeds)
        if 1 in seeds:
            raise ValueError("boom")
        return []
    _replace_check(monkeypatch, "docx", check)
    (line,) = divergences("docx", 0, 3)
    assert line.startswith(
        f"seed 1: raised ValueError('boom') at {__file__}:")
    assert ran == [0, 1, 2]
    assert main(["docx", "0", "3"]) == 1
    # a batching family charges the raise to the whole batch
    _replace_check(monkeypatch, "ruled", check)
    (line,) = divergences("ruled", 0, 250)
    assert line.startswith("seeds 0-199: raised ValueError('boom')")


def _code_names(code):
    yield from code.co_names
    for c in code.co_consts:
        if inspect.iscode(c):
            yield from _code_names(c)


def _reached(fn, seen: set) -> set[str]:
    """The ``tools.*`` modules whose names ``fn`` reads, directly or
    through its closure and the ``tools.*`` functions it reaches."""
    if fn in seen:
        return set()
    seen.add(fn)
    values = [fn.__globals__[n] for n in _code_names(fn.__code__)
              if n in fn.__globals__]
    values += [c.cell_contents for c in fn.__closure__ or ()]
    mods = set()
    for v in values:
        if inspect.ismodule(v) and v.__name__.startswith("tools."):
            mods.add(v.__name__)
        elif inspect.isfunction(v) and v.__module__.startswith("tools."):
            mods |= {v.__module__} | _reached(v, seen)
    return mods


def test_every_fuzz_module_has_a_campaign_with_a_slice():
    modules = {"tools." + os.path.basename(p)[:-3]
               for p in glob.glob(os.path.join(TOOLS, "fuzz_*.py"))}
    seen: set = set()
    reached = set().union(*(_reached(c.check, seen)
                            for c in CAMPAIGNS.values()))
    assert sorted(modules - reached) == []
    assert all(c.slice > 0 for c in CAMPAIGNS.values())
