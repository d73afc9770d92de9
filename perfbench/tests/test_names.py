"""Every name the benchmark emits fits the result contract."""

import re

from perfbench import run

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_emitted_names_and_units():
    spec = run.spec()
    pairs = [(m["name"], m["unit"]) for k in ("end_to_end", "per_layer") for m in spec[k]]
    names = [n for n, _ in pairs] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    for name, unit in pairs:
        assert UNIT.fullmatch(unit), (name, unit)


def test_known_defects_match_only_their_reason():
    reason = "3 latest changelog values differ from the committed table (16-track-uuid)"
    assert run.known_defect("library_daily", "step16", reason)
    assert not run.known_defect("library_daily", "step16", reason.replace("16-track-uuid", "02-text"))
    assert not run.known_defect("registry_analytics", "step16", reason)
    wma = "2 (file, column) values differ from the table in .wma files only, e.g. x"
    assert run.known_defect("library_daily", "export", wma)
    assert not run.known_defect("library_daily", "export", wma.replace(".wma", ".flac .wma"))
