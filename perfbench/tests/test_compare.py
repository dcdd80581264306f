import json

from perfbench import compare


def _record(directory, name, sha, value):
    rec = {"workload": "convert", "seed": 1, "trace": 0,
           "fixtures": {"tall.dta": {"sha256": sha, "bytes": 10}},
           "e2e": {"cells_per_cpu_s": value}}
    (directory / name).write_text(json.dumps(rec))


def test_same_fixtures_compare(tmp_path, capsys):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _record(a, "r.json", "aa", 100.0)
    _record(b, "r.json", "aa", 110.0)
    assert compare.main([str(a), str(b)]) == 0
    assert "x1.100" in capsys.readouterr().out


def test_different_fixtures_are_refused(tmp_path, capsys):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _record(a, "r.json", "aa", 100.0)
    _record(b, "r.json", "bb", 100.0)
    assert compare.main([str(a), str(b)]) == 1
    assert "fixtures differ" in capsys.readouterr().err
