import os
import sys

from perfbench.fixtures import frame_digest, tall_frame
from perfbench.workloads import check_export

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


def _stata(tmp_path):
    pdf = tall_frame(seed=7, rows=2000)
    path = str(tmp_path / "out.dta")
    pdf.to_stata(path, write_index=False, convert_dates={"d1": "td", "d2": "td"})
    return path, frame_digest(pdf)


def test_intact_export_passes(tmp_path):
    path, expect = _stata(tmp_path)
    assert check_export(None, "dta", path, expect) is None


def test_one_flipped_byte_fails(tmp_path):
    path, expect = _stata(tmp_path)
    size = os.path.getsize(path)
    with open(path, "r+b") as fh:  # the middle of the file is row data
        fh.seek(size // 2)
        b = fh.read(1)
        fh.seek(size // 2)
        fh.write(bytes([b[0] ^ 0x01]))
    assert check_export(None, "dta", path, expect) is not None


def test_truncated_export_fails(tmp_path):
    path, expect = _stata(tmp_path)
    with open(path, "r+b") as fh:
        fh.truncate(os.path.getsize(path) // 3)
    assert check_export(None, "dta", path, expect) is not None


class _Op:
    def __init__(self, verdict):
        self.verdict = verdict

    def check(self, _spark, _res):
        if isinstance(self.verdict, Exception):
            raise self.verdict
        return self.verdict


def test_failed_checks_count_into_failed():
    recs = [
        {"op": _Op(None), "res": object(), "error": None},
        {"op": _Op("digest differs"), "res": object(), "error": None},
        {"op": _Op(RuntimeError("boom")), "res": object(), "error": None},
        {"op": _Op(None), "res": None, "error": "ValueError: op raised"},
    ]
    assert run.check_all(None, recs) == 3
    assert recs[0]["error"] is None
    assert recs[2]["error"].startswith("check raised RuntimeError")
