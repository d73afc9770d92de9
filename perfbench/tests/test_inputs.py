"""The same seed gives a byte-identical library and delta set."""

import os

from perfbench import library as L


def _state(root):
    out = {}
    for p in L.list_files(root):
        with open(p, "rb") as fh:
            out[os.path.relpath(p, root)] = (fh.read(), os.stat(p).st_mtime_ns)
    return out


def _build(root, seed, ticks=2):
    paths = L.synth_library(str(root), 64, seed)
    deltas = [L.make_delta(str(root), paths, seed, tick) for tick in range(ticks)]
    rel = lambda ps: [os.path.relpath(p, root) for p in ps]  # noqa: E731
    return _state(root), [
        (rel(d.retagged), rel(d.added), rel(d.deleted)) for d in deltas
    ]


def test_same_seed_same_bytes(tmp_path):
    a = _build(tmp_path / "a", 7)
    b = _build(tmp_path / "b", 7)
    assert a == b


def test_other_seed_other_library(tmp_path):
    a, _ = _build(tmp_path / "a", 7, ticks=0)
    b, _ = _build(tmp_path / "b", 8, ticks=0)
    assert a != b


def test_delta_sizes_and_families(tmp_path):
    paths = L.synth_library(str(tmp_path), 400, 3)
    assert {os.path.splitext(p)[1] for p in paths} == set(L.EXTS)
    assert sum(p.endswith(L.ASF) for p in paths) == 400 // L.ASF_EVERY
    d = L.make_delta(str(tmp_path), paths, 3, 0)
    assert (len(d.retagged), len(d.added), len(d.deleted)) == (4, 2, 1)
    assert not any(p.endswith(L.ASF) for p in d.added)
    assert len(L.list_files(str(tmp_path))) == 401 == len(paths)


def test_tables_are_seeded(tmp_path):
    from perfbench import tables

    tables.write_tables(str(tmp_path / "a"), 5, 0.0005)
    tables.write_tables(str(tmp_path / "b"), 5, 0.0005)
    for name in sorted(os.listdir(tmp_path / "a")):
        with open(tmp_path / "a" / name, "rb") as fa, open(tmp_path / "b" / name, "rb") as fb:
            assert fa.read() == fb.read(), name
